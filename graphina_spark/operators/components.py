"""Connected components — hash-min label exchange with path compression.

Reference: BFS per unvisited node (src/community/connected_components.rs:19-53)
returning components in discovery order; weakly-connected follows directed
edges both ways (:83-117).  The reference's tests compare components as
**sorted partitions**, not label values (:219-230), so our canonical label —
the minimum vertex id in the component — is compared after the same
canonicalization on both sides.

Spark formulation (the scale-out classic, cf. "hash-min" in Rastogi et al.,
Finding Connected Components in MapReduce):

    label(v) := min(label(v), min_{u ∈ N(v)} label(u))     (neighbor exchange)
    label(v) := label(label(v))                            (path compression)

The neighbor exchange is one join + min-aggregation per superstep (map-side
partial agg combines messages before the shuffle); the compression join makes
label trees collapse so rounds ≈ O(log diameter) instead of O(diameter).
A superstep plans three exchanges and no broadcast: the min-aggregation,
the compression join's left side keyed by label, and the new labels
re-keyed by id, which the changed-count join and the next superstep's joins
then use without an exchange.
The shared loop (:mod:`graphina_spark.plans.superstep`) runs the supersteps
and stops at zero changed labels.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphina_spark.graph import LinkGraph
from graphina_spark.plans.checkpoint import CheckpointManager
from graphina_spark.plans.materialize import local_materialize, partitioned_cache
from graphina_spark.plans.superstep import changed_count, run_supersteps


def connected_components(
    g: LinkGraph,
    max_iter: int = 100,
    checkpoint: CheckpointManager | None = None,
    resume: bool = False,
) -> DataFrame:
    """(id: long, component: long) — component = min vertex id in the
    component (the canonical relabel both sides of the oracle apply).

    Works for undirected graphs and as **weakly** connected components for
    directed graphs (edges followed both ways, connected_components.rs:83-117).
    """
    sym = partitioned_cache(g.undirected_view().select("src", "dst").repartition("src"))

    def step(labels: DataFrame, cache) -> DataFrame:
        nbr_min = (
            sym.alias("e")
            .join(labels.alias("l").hint("shuffle_hash"), F.col("l.id") == F.col("e.src"))
            .groupBy(F.col("e.dst").alias("id"))
            .agg(F.min("l.component").alias("nbr"))
        )
        # both sides of the pointer jump read it: materialized (lazily, by
        # the new state's job) so that neither side recomputes it
        new = local_materialize(
            labels.join(nbr_min.hint("shuffle_hash"), "id", "left")
            .select("id", F.least("component", F.coalesce("nbr", "component")).alias("component")),
            eager=False,
        )
        # pointer jump: follow my label's current label
        return (
            new.alias("a")
            .join(
                new.select(
                    F.col("id").alias("component"), F.col("component").alias("cc")
                ).alias("b").hint("shuffle_hash"),
                "component",
                "left",
            )
            .select(F.col("a.id").alias("id"), F.coalesce("cc", "component").alias("component"))
            # the pointer jump leaves the rows keyed by component; re-key by
            # id here, so the score's and the next step's id joins need no
            # exchange
            .repartition("id")
        )

    return run_supersteps(
        g.vertices.sparkSession, "cc",
        lambda: g.vertices.select("id", F.col("id").alias("component")),
        step, max_iter, score=changed_count("component"), tol=1,
        checkpoint=checkpoint, resume=resume, release=[sym],
    )


def weakly_connected_components(g: LinkGraph, **kw) -> DataFrame:
    """Directed graph, edges both ways (connected_components.rs:83-117)."""
    return connected_components(g, **kw)


def count_components(g: LinkGraph) -> int:
    """Scalar helper (reference: core/validation.rs count_components)."""
    return connected_components(g).select("component").distinct().count()


def is_connected(g: LinkGraph) -> bool:
    return count_components(g) <= 1


def component_size_histogram(g: LinkGraph) -> DataFrame:
    """(size, n) — number of weakly connected components per size (the
    "one giant component + dust" readout).  WCC labels + two aggregations."""
    return (
        weakly_connected_components(g)
        .groupBy("component")
        .agg(F.count("*").alias("size"))
        .groupBy("size")
        .agg(F.count("*").alias("n"))
    )
