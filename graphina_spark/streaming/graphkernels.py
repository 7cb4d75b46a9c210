"""Streaming graph kernels: incremental connected components over an
edge stream via component-graph contraction.

The reference is batch-only (graphina has no streaming surface); this is
the Spark-native extension for the north star's production shape — crawl
edges landing continuously, with the component labelling kept current
without re-running the full hash-min kernel over the accumulated graph.

Key idea (union-find at the component level): edges only ever MERGE
components (no deletions in an append-only crawl), so a micro-batch never
needs to re-propagate labels through old edges.  Per batch:

1. endpoints unseen so far enter the label store as singletons
   (``component = id``),
2. the batch's edges are projected onto current component ids; edges whose
   endpoints already share a component vanish — what remains is the
   **merge graph**, whose size is bounded by the batch (not the corpus),
3. the existing batch hash-min kernel (operators/components.py, the gated
   one) runs on that tiny merge graph only,
4. one broadcast-sized join remaps the label store.

Because batch labels are canonical min-vertex-ids and hash-min takes the
min over merged groups, the incremental labels are ALWAYS bit-identical to
re-running the batch kernel on the full accumulated edge set (pytest pins
this equivalence) — so the streaming path inherits the batch gate.

State layout: every micro-batch commits a label snapshot through
plans/checkpoint.py::CheckpointManager (Iceberg-shaped iteration
directories + per-partition lineage manifests), so the stream resumes from
the last complete snapshot after a crash; replaying a batch is idempotent
(re-merging already-merged edges is a label no-op).

Scale shape per batch: two id-keyed joins against the label store (the
only corpus-sized shuffles), a distinct over batch-bounded component
pairs, the hash-min kernel over that merge graph (usually broadcastable),
and one remap join keyed by component id.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from graphina_spark.plans.checkpoint import CheckpointManager

EDGES_DDL = "src long, dst long"


def merge_components(labels: DataFrame, new_edges: DataFrame) -> DataFrame:
    """(id, component) after folding ``new_edges`` into the ``labels``
    store — the pure-batch single step (the streaming sink calls this per
    micro-batch; callable directly for a batch-incremental pipeline).

    ``labels`` holds canonical min-vertex-id components (the batch
    kernel's contract); unseen endpoints become singletons first.
    """
    edges = new_edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    ends = (
        edges.select(F.col("src").alias("id"))
        .unionAll(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    fresh = ends.join(labels, "id", "left_anti").select(
        "id", F.col("id").alias("component")
    )
    labels2 = labels.unionByName(fresh)

    lab_s = labels2.select(F.col("id").alias("src"), F.col("component").alias("cu"))
    lab_d = labels2.select(F.col("id").alias("dst"), F.col("component").alias("cv"))
    merge_edges = (
        edges.join(lab_s, "src")
        .join(lab_d, "dst")
        .where(F.col("cu") != F.col("cv"))
        .select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
        .distinct()
    )
    if merge_edges.isEmpty():
        return labels2

    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.components import connected_components

    mapping = connected_components(
        LinkGraph.from_edges(merge_edges, directed=False)
    ).select(F.col("id").alias("oldc"), F.col("component").alias("newc"))
    return (
        labels2.join(
            F.broadcast(mapping), labels2["component"] == mapping["oldc"], "left"
        )
        .select("id", F.coalesce("newc", "component").alias("component"))
    )


def stream_edge_files(
    spark: SparkSession, edges_dir: str, max_files: int = 8
) -> DataFrame:
    """``readStream`` over a directory of (src, dst) parquet edge files —
    one micro-batch per ``max_files`` new files (the shape run_edge_sink
    produces after url→id mapping)."""
    return (
        spark.readStream.schema(EDGES_DDL)
        .option("maxFilesPerTrigger", max_files)
        .parquet(edges_dir)
    )


def run_incremental_components(
    edges: DataFrame,
    state_base: str,
    stream_checkpoint: str,
    run_id: str = "inc_cc",
) -> StreamingQuery:
    """Start the incremental-components sink over a streaming edge frame.

    Every micro-batch folds its edges into the latest label snapshot
    (resuming from ``state_base/run_id`` if present) and commits a new
    snapshot with lineage manifest.  Read the current labels back with
    :func:`latest_components`.
    """
    ckpt = CheckpointManager(
        base=state_base, run_id=run_id, params={"kernel": "incremental_components"}
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        found = ckpt.latest(sess)
        if found is None:
            it, labels = -1, sess.createDataFrame([], "id long, component long")
        else:
            it, labels, _ = found
        ckpt.save(
            merge_components(labels, batch),
            it + 1,
            extra={"batch_id": batch_id},
        )

    return (
        edges.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", stream_checkpoint)
        .start()
    )


def latest_components(
    spark: SparkSession, state_base: str, run_id: str = "inc_cc"
) -> DataFrame | None:
    """Current (id, component) snapshot, or None before the first batch."""
    ckpt = CheckpointManager(
        base=state_base, run_id=run_id, params={"kernel": "incremental_components"}
    )
    found = ckpt.latest(spark)
    return None if found is None else found[1]


PR_EDGES_DDL = "src long, dst long, weight double"


def advance_pagerank(
    edge_store: DataFrame,
    prev_ranks: DataFrame | None,
    new_edges: DataFrame,
    damping: float = 0.85,
    tol: float | None = 1e-8,
    max_iter: int = 100,
    stats: dict | None = None,
    fixed_iters: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fold a batch of new weighted edges into the accumulated edge store and
    return ``(edge_store', ranks')`` with PageRank re-converged WARM-STARTED
    from the previous rank vector — the pure-batch single step behind
    :func:`run_incremental_pagerank` (callable directly for a
    batch-incremental recrawl pipeline).

    Warm-start contract: previously-seen vertices start from their old rank,
    unseen vertices from ``1/n_new``; :func:`~graphina_spark.operators.
    pagerank.pagerank` L1-normalizes the start vector, runs its usual
    superstep loop and stops at ``tol``.  Because the damped PageRank
    operator is a contraction with a unique fixpoint, the warm-started
    result converges to the SAME vector a cold batch run produces — the
    start only changes the iteration count (``stats["iterations"]``, which
    shrinks as batches get relatively smaller; the observability hook a
    recrawl scheduler reads).
    """
    from graphina_spark.graph import LinkGraph
    from graphina_spark.operators.pagerank import pagerank

    cols = new_edges.columns
    w = (
        F.coalesce(F.col("weight").cast("double"), F.lit(1.0))
        if "weight" in cols
        else F.lit(1.0)
    )
    batch = new_edges.select(
        F.col("src").cast("long"), F.col("dst").cast("long"), w.alias("weight")
    ).where(F.col("src").isNotNull() & F.col("dst").isNotNull())
    store2 = edge_store.unionByName(batch)
    g = LinkGraph.from_edges(store2, directed=True)
    nstart = None
    if prev_ranks is not None:
        n = g.num_vertices()
        nstart = (
            g.vertices.select("id")
            .join(prev_ranks.withColumnRenamed("rank", "value"), "id", "left")
            .select("id", F.coalesce("value", F.lit(1.0 / n)).alias("value"))
        )
    ranks = pagerank(
        g, damping=damping, tol=tol, max_iter=max_iter, nstart=nstart,
        stats=stats, fixed_iters=fixed_iters,
    )
    return store2, ranks


def run_incremental_pagerank(
    edges: DataFrame,
    state_base: str,
    stream_checkpoint: str,
    run_id: str = "inc_pr",
    damping: float = 0.85,
    tol: float | None = 1e-8,
    max_iter: int = 100,
) -> StreamingQuery:
    """Start the incremental-PageRank sink over a streaming edge frame.

    State = two lineage-checkpointed snapshot families per iteration (the
    accumulated edge store, then the rank vector — committed in that order,
    so after a crash between the two commits the edge store wins and the
    stale rank vector still serves as a warm start).  A replayed micro-batch
    (same ``batch_id`` as the last committed one) is skipped — re-appending
    its edges would double their weights, unlike the idempotent label merge
    in :func:`run_incremental_components`.
    """
    e_ckpt = CheckpointManager(
        base=state_base, run_id=f"{run_id}_edges", params={"kernel": "inc_pr_edges"}
    )
    r_ckpt = CheckpointManager(
        base=state_base,
        run_id=f"{run_id}_ranks",
        params={"kernel": "inc_pr_ranks", "damping": damping},
    )

    def _fold(batch: DataFrame, batch_id: int) -> None:
        sess = batch.sparkSession
        ef = e_ckpt.latest(sess)
        rf = r_ckpt.latest(sess)
        if ef is None:
            it, store, ranks = -1, sess.createDataFrame([], PR_EDGES_DDL), None
        else:
            it, store, me = ef
            last_bid = me.get("batch_id")
            if last_bid is not None and batch_id <= last_bid:
                return  # replay of an already-folded batch
            ranks = rf[1] if rf is not None else None
        stats: dict = {}
        store2, pr = advance_pagerank(
            store, ranks, batch, damping=damping, tol=tol, max_iter=max_iter,
            stats=stats,
        )
        e_ckpt.save(store2, it + 1, extra={"batch_id": batch_id})
        r_ckpt.save(
            pr,
            it + 1,
            delta=stats.get("delta"),
            extra={"batch_id": batch_id, "iterations": stats.get("iterations")},
        )

    return (
        edges.writeStream.foreachBatch(_fold)
        .option("checkpointLocation", stream_checkpoint)
        .start()
    )


def latest_pagerank(
    spark: SparkSession, state_base: str, run_id: str = "inc_pr", damping: float = 0.85
) -> tuple[DataFrame, dict] | None:
    """Current (id, rank) snapshot + its manifest (iterations/delta per the
    last batch), or None before the first batch."""
    ckpt = CheckpointManager(
        base=state_base,
        run_id=f"{run_id}_ranks",
        params={"kernel": "inc_pr_ranks", "damping": damping},
    )
    found = ckpt.latest(spark)
    return None if found is None else (found[1], found[2])
