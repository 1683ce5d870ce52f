"""Connected components by iterative min-label propagation.

Near-dup PAIRS (minhash/simhash/jaccard output) aren't the deliverable
of a dedup pipeline — duplicate CLUSTERS are: the transitive closure of
pairs, with one canonical document kept per cluster.  Components over
the pair graph is the canonical iterative-dataflow algorithm, the one
shape the engine cannot express as a single declarative plan.

Algorithm (min-label propagation, the DataFrame rendition of
large-star/small-star, cf. the MapReduce connected-components
literature): every node starts labeled with itself; each round, a node
takes the min of its own label and its neighbors' labels; stop when a
round changes nothing.  Rounds = O(component diameter) — near-dup
clusters are dense and shallow, so this converges in a handful of
rounds.

Scale shape: one shuffle per round (groupBy node), label frame is
(node, label) longs only, edges pinned for the whole loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_framework_spark.operators.materialize import iterate

# A runaway bound on propagation rounds, not a tuning knob: rounds =
# component diameter, a handful for near-dup clusters.
_MAX_ROUNDS = 20


def connected_components(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """DataFrame[node, component] — component = min node id reachable.

    ``edges`` is an undirected pair list (each pair once is fine).
    Isolated nodes don't appear (join the caller's node table with a
    coalesce afterwards if needed).  The loop runs on
    :func:`~mapreduce_framework_spark.operators.materialize.iterate`,
    which owns its checkpoint cadence, width, AQE bypass and
    convergence check.
    """
    # Iterative-dataflow hygiene: WITHOUT materialization each round's
    # work re-executes the whole lineage — including the caller's
    # (possibly expensive) edge derivation — once per round, and the
    # logical plan grows unboundedly.  Measured 17s → 3s at sf0.1 on the
    # dedup_clusters query.  :func:`iterate` pins the symmetrized edges
    # (2 long columns) and caches a copy hash-partitioned on ``v``, the
    # per-round join key: every round joins sym.v == labels.v2, so one
    # edge-sized exchange serves the whole loop (the labels side still
    # shuffles, but it is node-sized).  Labels checkpoint every round;
    # the convergence count rides on that checkpoint's job.
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).union(
        edges.select(F.col(dst).alias("u"), F.col(src).alias("v"))
    )
    labels = iterate(
        sym.select("u").distinct().select("u", F.col("u").alias("component")),
        _propagate,
        _MAX_ROUNDS,
        pinned=sym,
        partition_by="v",
        final_checkpoint=True,
        changed="_changed",
    )
    return labels.select(F.col("u").alias("node"), "component")


def _propagate(labels: DataFrame, sym: DataFrame) -> DataFrame:
    """One round: each node takes the min of its label and its
    neighbors' labels; ``_changed`` marks the nodes whose label fell."""
    neighbor_min = (
        sym.join(labels.withColumnRenamed("u", "v2"), sym.v == F.col("v2"))
        .groupBy("u")
        .agg(F.min("component").alias("nbr_min"))
    )
    return labels.join(neighbor_min, "u", "left").select(
        "u",
        F.least(F.col("component"), F.coalesce("nbr_min", F.col("component"))).alias(
            "component"
        ),
        (F.coalesce("nbr_min", F.col("component")) < F.col("component")).alias(
            "_changed"
        ),
    )
