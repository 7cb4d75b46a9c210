"""Streaming GNN export: incremental GraphSAGE neighborhood features over
an edge stream.

The reference is batch-only (graphina has no feature or streaming
surface); this is the Spark-native extension for the continuous-training
shape of the north star: crawl edges land in micro-batches, and the
per-vertex sampled-neighborhood feature export (operators/gnnprep.py, the
``sage_agg_web``-gated kernel) is kept current WITHOUT recomputing the
whole corpus per batch.

Key property (why a delta recompute is exact, not approximate): the
deterministic neighbor sample of vertex v is a function of v's own
undirected neighbor set alone — a portable per-edge hash ranks the
neighbors, no randomness, no global state.  An appended edge (s, d)
therefore changes the sample (and hence the exported mean) of s and d
ONLY.  Per micro-batch:

1. drop batch edges already in the store (at-least-once replay becomes a
   no-op — the crash-recovery contract),
2. the surviving edges' endpoints form the **affected set**, bounded by
   the batch size, never the corpus,
3. rerun the gated sage kernel with ``roots=affected`` — the semi-join
   lands BEFORE the ranking windows, so only affected adjacency rows are
   ranked (O(Σ deg(affected)) work, one bounded shuffle),
4. one anti-join swaps the affected vertices' old export rows for the
   recomputed ones.

The result is ALWAYS bit-identical to running sage_neighbor_mean on the
full accumulated edge set (pytest pins the equivalence per batch), so the
streaming path inherits the batch DuckDB gate.

State: two CheckpointManager stores (accumulated distinct edges; current
export) committed per micro-batch with Iceberg-shaped iteration dirs +
lineage manifests, resuming from the last complete snapshot pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from graphina_spark.plans.checkpoint import CheckpointManager

EDGES_DDL = "src long, dst long"
EXPORT_DDL = "id long, pos int, mean_val double, n_sampled long"


def merge_sage_export(
    edges_store: DataFrame,
    export: DataFrame,
    batch_edges: DataFrame,
    features: DataFrame,
    k: int = 3,
    salt_buckets: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """(edges_store', export') after folding ``batch_edges`` in — the
    pure-batch single step (the streaming sink calls this per micro-batch;
    callable directly for a batch-incremental pipeline).

    ``export`` rows for vertices untouched by the batch are carried over
    verbatim; touched vertices are recomputed against the full accumulated
    adjacency via the gated kernel's ``roots`` path."""
    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.gnnprep import sage_neighbor_mean

    b = (
        batch_edges.select(F.col("src").cast("long"), F.col("dst").cast("long"))
        .where(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    fresh = b.join(edges_store, ["src", "dst"], "left_anti")
    if fresh.isEmpty():
        return edges_store, export
    edges2 = edges_store.unionByName(fresh)
    affected = (
        fresh.select(F.col("src").alias("id"))
        .unionAll(fresh.select(F.col("dst").alias("id")))
        .distinct()
    )
    g = LinkGraph.from_edges(edges2, directed=False)
    delta = sage_neighbor_mean(
        g, features, k=k, salt_buckets=salt_buckets, directed=False, roots=affected
    ).select("id", "pos", "mean_val", "n_sampled")
    kept = export.join(affected, "id", "left_anti")
    return edges2, kept.unionByName(delta)


def run_incremental_sage_export(
    edges: DataFrame,
    features: DataFrame,
    state_base: str,
    stream_checkpoint: str,
    run_id: str = "inc_sage",
    k: int = 3,
    salt_buckets: int = 16,
) -> StreamingQuery:
    """Start the incremental-export sink over a streaming edge frame.

    Every micro-batch folds its edges into the latest (edge, export)
    snapshot pair (resuming from ``state_base/{run_id}_{edges,export}`` if
    present) and commits new snapshots with lineage manifests.  Read the
    current export back with :func:`latest_sage_export`."""
    eck = CheckpointManager(
        base=state_base, run_id=f"{run_id}_edges", params={"kernel": "inc_sage"}
    )
    xck = CheckpointManager(
        base=state_base, run_id=f"{run_id}_export", params={"kernel": "inc_sage"}
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        fe = eck.latest(sess)
        fx = xck.latest(sess)
        if fe is None or fx is None:
            it = -1
            estore = sess.createDataFrame([], EDGES_DDL)
            export = sess.createDataFrame([], EXPORT_DDL)
        else:
            it, estore, _ = fe
            _, export, _ = fx
        e2, x2 = merge_sage_export(
            estore, export, batch, features, k=k, salt_buckets=salt_buckets
        )
        # export FIRST, edges LAST: the edges store gates fresh-edge
        # detection, so it must only advance once the export for the batch
        # is durable — a crash between the two saves then replays the batch
        # into an idempotent recompute instead of silently skipping it
        xck.save(x2, it + 1, extra={"batch_id": batch_id})
        eck.save(e2, it + 1, extra={"batch_id": batch_id})

    return (
        edges.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", stream_checkpoint)
        .start()
    )


def latest_sage_export(
    spark: SparkSession, state_base: str, run_id: str = "inc_sage"
) -> DataFrame | None:
    """Current (id, pos, mean_val, n_sampled) export snapshot, or None
    before the first committed batch."""
    found = CheckpointManager(
        base=state_base, run_id=f"{run_id}_export", params={"kernel": "inc_sage"}
    ).latest(spark)
    return None if found is None else found[1]
